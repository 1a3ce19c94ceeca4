#!/usr/bin/env python3
"""Layered benchmark for the mc_ns_data_pipeline_spark engine.

    python3 perfbench/run.py --workload etl_reference --seed 1 \
        --seconds 10 --trace 0

Run from the repository root. Workloads (see BENCHMARK.json and
perfbench/layers.json): ``etl_reference`` (q01-q18), ``curation_heavy``
(twelve execution-heavy curation queries) and ``lakehouse_cdc``
(versioned-table commits, reads and CDC drains). Inputs are generated
from ``--seed``; everything the run writes lives under one directory in
``.perfbench/`` that is removed at exit, except the result and trace
artifacts in ``.perfbench/results``.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics with ``--trace 0``,
per-layer metrics with ``--trace 1``). A traced run first makes the
same run untraced in a child process, the base of its tracing overhead.
The line before the last holds the full detail: host context, set-up
phases, tail percentile, every metric. Exit code 0 only when every op
and check passed.

Op and set-up times are wall time net of the CPU time the hypervisor
stole for other guests (``stats.unstolen_s``), and a query counts at
the faster of its two timed runs (``stats.best_of_passes``): on a
shared host both cut how much neighbours' load shows in the figures.
The detail line keeps the raw wall-time figures under ``wall``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
PACKAGE = "mc_ns_data_pipeline_spark"

WORKLOADS = ("etl_reference", "curation_heavy", "lakehouse_cdc")
SF = {"etl_reference": 0.001, "curation_heavy": 0.001, "lakehouse_cdc": 0.01}
MAX_SLOTS = 4
#: A traced run's untraced reference run must end within this.
REFERENCE_TIMEOUT_S = 100


def _process_age_s() -> float:
    """Seconds since this process started (from /proc)."""
    with open("/proc/self/stat") as fh:
        raw = fh.read()
    start_ticks = int(raw[raw.rindex(")") + 2:].split()[19])
    hz = os.sysconf("SC_CLK_TCK")
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / hz


def _steal_s() -> float:
    """CPU time the hypervisor gave to other guests since boot (all
    CPUs): a run whose share grew was slowed by neighbours."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="recorded only: every run times a fixed number "
                         "of passes, so a faster program is not given "
                         "more ops")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--corrupt", action="store_true",
                    help="perturb one checked output: the run must fail")
    return ap.parse_args(argv)


def _prepare_env(work: str, slots: int) -> None:
    """Keep every file the run writes inside ``work`` and size Spark."""
    import tempfile

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # spark-submit's launcher is a JVM of its own
    os.environ["SPARK_LAUNCHER_OPTS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}")
    os.environ["SPARK_GRAFT_CPUS"] = str(slots)
    # the heap the package ships with, whatever the caller's shell says
    os.environ.pop("SPARK_GRAFT_DRIVER_MEM", None)
    os.environ["SPARK_GRAFT_PYC_CACHE"] = os.path.join(
        REPO, ".perfbench", "pyc")
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)


def _spark_conf(work: str) -> dict[str, str]:
    return {
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.retainedJobs": "5000",
        "spark.ui.retainedStages": "20000",
        "spark.sql.streaming.ui.retainedQueries": "10",
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(REPO, PACKAGE)):
        print(f"perfbench: package {PACKAGE!r} not found under {REPO}",
              file=sys.stderr)
        return 2
    # a SIGTERM runs the finally blocks: JVM stopped, tree reaped
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    reference = None
    if args.trace:
        # The tracing overhead is measured against an untraced run of
        # the same workload and seed, made first, in its own process.
        reference = _untraced_run(args)
    sys.path[:0] = [REPO, HERE]
    import procs
    cpu0 = procs.cpu_ticks()
    import spark_metrics
    import stats
    import trace
    import workloads as W

    nproc = len(os.sched_getaffinity(0))
    # One core stays free for the Python driver, the JIT and the GC.
    slots = max(1, min(MAX_SLOTS, nproc - 1))
    sf = SF[args.workload]
    runs_dir = os.path.join(REPO, ".perfbench")
    work = os.path.join(runs_dir, f"run-{os.getpid()}")
    results_dir = os.path.join(runs_dir, "results")
    os.makedirs(results_dir, exist_ok=True)
    shutil.rmtree(work, ignore_errors=True)
    _prepare_env(work, slots)
    load0, steal0 = os.getloadavg(), _steal_s()

    procs.become_subreaper()
    sampler = procs.TreeSampler(0.1)
    sampler.start()
    spark = None
    try:
        from mc_ns_data_pipeline_spark.session import get_spark

        t0 = time.perf_counter()
        spark = get_spark(f"perfbench-{args.workload}",
                          extra_conf=_spark_conf(work))
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t0
        jsc = spark.sparkContext._jsc.sc()

        tracer = trace.Tracer(lambda: jsc.dagScheduler().nextJobId(),
                              available=bool(args.trace))
        listener = None
        if args.trace:
            import mc_ns_data_pipeline_spark.plans  # noqa: F401 (bind names)
            import mc_ns_data_pipeline_spark.streaming.incremental  # noqa
            tracer.install()
            listener = trace.StreamListener(tracer)
            spark.streams.addListener(listener.listener)
            trace.CatalystListener(tracer, spark)

        run = W.Run(spark, work, args.seed, sf, tracer, args.corrupt)
        run.setup["session_s"] = session_s
        if args.workload == "etl_reference":
            W.run_queries(run, W.ETL_REFERENCE)
        elif args.workload == "curation_heavy":
            W.run_queries(run, W.CURATION_HEAVY)
        else:
            W.run_lakehouse(run)

        layer = {}
        driver_mem = spark.sparkContext.getConf().get("spark.driver.memory")
        if args.trace:
            layer = layer_metrics(run, tracer, listener, spark_metrics,
                                  stats, spark, sampler, slots, reference)
    finally:
        if spark is not None:
            _stop_spark(spark)
        sampler.sample()
        sampler.stop()
        procs.reap_tree()
        shutil.rmtree(work, ignore_errors=True)

    ops = run.ops
    lat = [o["s"] for o in ops]
    tail_v, tail_pct, tail_n = stats.tail(lat)
    if reference is not None:
        run.checks.append({"name": "untraced_reference_run",
                           "ok": reference["correct"]})
    attempted = len(ops) + len(run.checks)
    failed = (sum(not o["ok"] for o in ops)
              + sum(not c["ok"] for c in run.checks))
    peak_mb = sampler.peak_rss / 2**20
    if layer:
        layer["fail_ratio"] = failed / attempted
        layer["op_tail_s"] = tail_v
        layer["op_p50_s"] = statistics.median(lat)
        layer["peak_rss_mb"] = peak_mb
    # process start to the first timed op (a traced run's reference run
    # came before its own start), net of stolen CPU as the ops are
    setup_wall_s = (run.t_first_op - t0 + _age_at(t0)
                    - (reference["wall_s"] if reference else 0.0))
    setup_s = stats.unstolen_s(setup_wall_s,
                               run.cpu_first_op[0] - cpu0[0],
                               run.cpu_first_op[1] - cpu0[1])
    busy = sum(o["busy_ticks"] for o in ops)
    stolen = sum(o["stolen_ticks"] for o in ops)
    e2e = {"setup_s": (setup_s, "s"), **_op_metrics(ops, "s", stats)}
    detail = {
        "workload": args.workload, "seed": args.seed, "sf": sf,
        "trace": args.trace, "seconds": args.seconds,
        "host": {
            "nproc": nproc, "task_slots": slots,
            "loadavg_start": [round(x, 2) for x in load0],
            "loadavg_end": [round(x, 2) for x in os.getloadavg()],
            "steal_s": round(_steal_s() - steal0, 2),
            "pyspark": _pyspark_version(), "python": platform.python_version(),
            "driver_mem": driver_mem,
        },
        "setup": run.setup,
        "tail": {"op_tail_s": tail_v, "percentile": tail_pct,
                 "samples": tail_n, "min_beyond": stats.TAIL_MIN_BEYOND},
        "fail_ratio": failed / attempted,
        "op_p50_s": statistics.median(lat),
        "failed_checks": [c["name"] for c in run.checks if not c["ok"]],
        "failed_ops": [o["kind"] for o in ops if not o["ok"]],
        "peak_rss_mb": peak_mb,
        "peak_rss_parts_mb": sampler.peak_parts,
        "timed_wall_s": run.timed_wall, "cleanup_s": run.cleanup_s,
        # the raw wall-time figures the e2e metrics are corrected from
        "wall": {"setup_s": setup_wall_s,
                 **{k: v for k, (v, _) in
                    _op_metrics(ops, "wall_s", stats).items()},
                 "ops_stolen_share": stolen / (busy + stolen)
                 if busy + stolen else 0.0},
        "kind_p50_s": stats.kind_medians([(o["kind"], o["s"]) for o in ops]),
        "end_to_end": {k: v for k, (v, _) in e2e.items()},
        "per_layer": layer,
    }
    for k in ("freshness_s", "table_bytes_per_live_row"):
        if k in run.layer:
            detail[k] = run.layer[k]
    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    with open(os.path.join(results_dir, f"{tag}.json"), "w") as fh:
        json.dump(detail, fh, indent=1, sort_keys=True)
    if args.trace:
        tracer.write_jsonl(os.path.join(results_dir, f"{tag}.spans.jsonl"))

    if args.trace:
        units = _layer_units()
        metrics = {k: {"value": float(layer.get(k, 0.0)), "unit": u}
                   for k, u in units.items()}
    else:
        metrics = {k: {"value": float(v), "unit": u}
                   for k, (v, u) in e2e.items()}
    print(json.dumps(detail, sort_keys=True))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0 if failed == 0 else 1


def _op_metrics(ops, field, stats) -> dict[str, tuple[float, str]]:
    """ops_per_s and kind_geomean_s from each op's fastest repeat over
    the passes (``field`` is the op time used)."""
    best = stats.best_of_passes([(o["pass"], o["kind"], o[field])
                                 for o in ops])
    ok = stats.best_of_passes([(o["pass"], o["kind"], o[field])
                               for o in ops if o["ok"]])
    return {"ops_per_s": (len(best) / sum(s for _, s in best), "1/s"),
            "kind_geomean_s": (stats.kind_geomean(ok) if ok else 0.0, "s")}


def _untraced_run(args) -> dict:
    """Run this benchmark untraced with the same workload, seed and
    seconds in a child process; returns its result line and wall time.
    The child is stopped and waited for whatever happens here."""
    cmd = [sys.executable, os.path.abspath(__file__),
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", "0"]
    t0 = time.perf_counter()
    child = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = child.communicate(timeout=REFERENCE_TIMEOUT_S)
    finally:
        if child.poll() is None:
            child.terminate()
            try:
                child.wait(timeout=30)
            except subprocess.TimeoutExpired:
                child.kill()
                child.wait()
    lines = out.strip().splitlines()
    result = json.loads(lines[-1]) if lines else {}
    return {"correct": child.returncode == 0 and bool(result.get("correct")),
            "ops_per_s": result.get("metrics", {}).get(
                "ops_per_s", {}).get("value", 0.0),
            "wall_s": time.perf_counter() - t0}


def _age_at(t_perf: float) -> float:
    """Process age at the perf_counter instant ``t_perf``."""
    return _process_age_s() - (time.perf_counter() - t_perf)


def _pyspark_version() -> str:
    import pyspark

    return pyspark.__version__


def _layer_units() -> dict[str, str]:
    with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"] for m in spec["per_layer"]}


def _stop_spark(spark) -> None:
    """Stop the session and the JVM behind it, and wait for it. A
    broken gateway (a SIGTERM inside a py4j call) must not keep the
    rest of the teardown from running."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    try:
        spark.stop()
        gw.shutdown()
    except Exception:
        traceback.print_exc()
    if proc is not None:
        # the JVM exits when its stdin closes
        proc.stdin.close()
        try:
            proc.wait(timeout=20)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def layer_metrics(run, tracer, listener, spark_metrics, stats, spark,
                  sampler, slots, reference) -> dict[str, float]:
    """Every per-layer metric of a traced run."""
    spans = tracer.spans
    stats.adopt(spans)
    ops = run.ops
    # spans and Spark's counters are wall time: their ratios use it too
    ops_wall_s = sum(o["wall_s"] for o in ops)
    out: dict[str, float] = {
        "session.get_spark_s": run.setup["session_s"],
        "session.warmup_s": run.setup.get("warmup_s",
                                          run.setup.get("lake_setup_s", 0)),
    }

    def total(name, field=None):
        sel = [s for s in spans if s["name"] == name]
        if field is None:
            return sum(s["end"] - s["start"] for s in sel)
        return sum(s.get(field, 0) for s in sel)

    out["catalog.load_table.calls"] = sum(
        1 for s in spans if s["name"] == "catalog.load_table")
    out["catalog.load_table.s"] = total("catalog.load_table")
    out["catalog.load_table.jobs"] = total("catalog.load_table", "jobs")
    out["plans.build_s"] = total("plans.build")
    out["plans.build_jobs"] = total("plans.build", "jobs")
    out["plans.build_share"] = (out["plans.build_s"] / ops_wall_s
                                if out["plans.build_s"] else 0.0)
    for ph in ("analysis", "optimization", "planning"):
        out[f"catalyst.{ph}_ms"] = total(f"catalyst.{ph}", "ms")

    # Spark work of every job the traced ops submitted, whatever thread
    # or job group it ran under: job ids are dense, so each op's range
    # [job0, job0 + jobs) covers them.
    job_ids = set()
    for s in spans:
        if s["layer"] == "bench":
            job_ids.update(range(s["job0"], s["job0"] + s["jobs"]))
    ex = spark_metrics.job_metrics(spark, sorted(job_ids))
    out.update({f"exec.{k}": v for k, v in ex.items()})
    out["exec.slot_busy_ratio"] = (ex["executor_run_ms"]
                                   / (ops_wall_s * 1000 * slots)
                                   if ops_wall_s else 0.0)

    names = {s["id"]: s["name"] for s in spans}
    for verb in ("append", "merge_mor", "delete_mor", "optimize",
                 "read_current"):
        name = f"versioned.{verb}"
        top = [s for s in spans if s["name"] == name
               and names.get(s["parent"]) != name]
        out[f"{name}.s"] = sum(s["end"] - s["start"] for s in top)
        out[f"{name}.jobs"] = sum(s["jobs"] for s in top)
    out["versioned.commit_conflicts"] = tracer.rebases
    for k in ("versioned.write_amp", "versioned.files_live",
              "versioned.delete_files_live", "versioned.manifest_bytes",
              "versioned.point_read.kept_ratio", "freshness_s",
              "table_bytes_per_live_row"):
        out[k] = run.layer.get(k, 0.0)

    prog = listener.progress
    trig = [p["d"].get("triggerExecution", 0) for p in prog]
    out["stream.runs"] = listener.runs
    out["stream.batches"] = len(prog)
    out["stream.batch_ms_p50"] = statistics.median(trig) if trig else 0.0
    out["stream.add_batch_ms"] = sum(p["d"].get("addBatch", 0) for p in prog)
    out["stream.offset_ms"] = sum(p["d"].get("latestOffset", 0)
                                  + p["d"].get("getBatch", 0) for p in prog)
    runner_s = total("stream.run_stream_matview")
    out["stream.lifecycle_overhead_s"] = (
        max(0.0, runner_s - sum(trig) / 1000) if runner_s else 0.0)
    out["stream.input_rows"] = sum(p["rows"] for p in prog)
    out["stream.state_rows"] = sum(p["state_rows"] for p in prog)
    out["stream.state_commit_ms"] = sum(p["state_commit_ms"] for p in prog)
    out["pyworker.procs_started"] = len(sampler.py_children)

    for layer, s in stats.layer_self_times(spans).items():
        out[f"self.{layer}_s"] = s
    for kind, s in stats.kind_medians(
            [(o["kind"], o["s"]) for o in ops]).items():
        out[f"kind.{kind}.p50_s"] = s
    # the same arithmetic as the untraced reference's ops_per_s
    traced_ops_per_s = _op_metrics(ops, "s", stats)["ops_per_s"][0]
    out["trace.ops_per_s_traced"] = traced_ops_per_s
    out["trace.ops_per_s_untraced"] = reference["ops_per_s"]
    out["trace.overhead_ratio"] = (reference["ops_per_s"] / traced_ops_per_s
                                   - 1.0)
    return out


if __name__ == "__main__":
    sys.exit(main())
