#!/usr/bin/env python
"""CDC-apply scale posture (round-10, VERDICT r09 #6; round-11
re-pointed at the PUBLIC runner, VERDICT r10 #2).

The 100 TB claims to verify, all through the public
``run_stream_apply_changes`` surface (no hand-built feed):

* applying a change feed to a replica costs O(batch events) per
  micro-batch — delete files are kilobytes, upserts land as new
  files plus one equality-delete mask, the replica is never
  rewritten (per-batch apply time flat across the drain);
* ``max_commits_per_trigger`` bounds every batch: a backlog of
  N commits drains as ⌈N/cap⌉ batches of the runner's driver loop,
  each recorded in the checkpoint's write-ahead cursor first;
* a KILL mid-drain (simulated: the batch hook raises) resumes from
  the last committed batch and finishes exactly-once —
  replica ≡ source at the end.

Usage: python scripts/stress_cdc_apply.py [WORK] [N_COMMITS] [CAP]
       [--view]

``--view`` drains through ``run_stream_matview`` instead: every batch
additionally recovers retracted contributions from the replica's
pre-batch state (broadcast bounded by the cap) and merges the
aggregate view — the flatness claim then covers the full IVM path,
and the view is checked ≡ the source's direct aggregate at the end.
"""

from __future__ import annotations

import math
import os
import shutil
import sys
import time


def main() -> None:
    sys.path.insert(0, "/root/repo")
    argv = [a for a in sys.argv[1:] if a != "--view"]
    with_view = "--view" in sys.argv[1:]
    work = argv[0] if len(argv) > 0 else "/tmp/stress_cdc"
    n_commits = int(argv[1]) if len(argv) > 1 else 60
    cap = int(argv[2]) if len(argv) > 2 else 5

    from pyspark.sql import SparkSession

    from mc_ns_data_pipeline_spark.sinks import versioned as V
    from mc_ns_data_pipeline_spark.streaming.incremental import (
        run_stream_apply_changes,
        run_stream_matview,
    )

    spark = (SparkSession.builder.master("local[8]")
             .config("spark.sql.shuffle.partitions", "8")
             .config("spark.ui.enabled", "false").getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    shutil.rmtree(work, ignore_errors=True)
    src = os.path.join(work, "src")
    rep = os.path.join(work, "rep")
    ckpt = os.path.join(work, "ckpt")

    view = os.path.join(work, "view")

    def df(rows):
        return spark.createDataFrame(rows, "k int, v string") \
            .coalesce(1)

    t0 = time.perf_counter()
    V.write_snapshot(df([(i, "base") for i in range(500)]), src)
    mark = V.current_snapshot(src)
    V.write_snapshot(V.read_current(spark, src), rep)
    for i in range(n_commits):
        kind = i % 3
        if kind == 0:
            V.append_snapshot(df([(1000 + i, f"app{i}")]), src)
        elif kind == 1:
            V.merge_snapshot_mor(
                spark, df([(i % 500, f"up{i}")]), src, "k")
        else:
            V.delete_keys_mor(
                spark, src, "k", df([(i % 500, "")]).select("k"))
    print(f"build: {n_commits} interleaved commits in "
          f"{time.perf_counter() - t0:6.1f} s", flush=True)

    expect_batches = math.ceil(n_commits / cap)
    kill_at = expect_batches // 2
    batch_times: list[float] = []

    def on_batch(bid, secs, b):
        batch_times.append(secs)
        if len(batch_times) == kill_at:
            raise RuntimeError("simulated kill mid-drain")

    def run(hook):
        if with_view:
            run_stream_matview(
                spark, src, rep, view, ckpt, "k", "v", "k",
                starting=mark, maintenance_every=4,
                max_commits_per_trigger=cap, on_batch=hook)
        else:
            run_stream_apply_changes(
                spark, src, rep, ckpt, "k", starting=mark,
                maintenance_every=4,
                max_commits_per_trigger=cap, on_batch=hook)

    t0 = time.perf_counter()
    killed = False
    try:
        run(on_batch)
    except Exception as e:  # the simulated kill surfaces here
        assert "simulated kill" in str(e), e
        killed = True
    assert killed, "kill hook never fired"
    print(f"killed after {kill_at} applied batches "
          f"(batch {kill_at} uncommitted -> will replay)",
          flush=True)
    # resume: replays at most the one uncommitted batch, then
    # finishes the remaining capped batches
    run(lambda bid, secs, b: batch_times.append(secs))
    dt = time.perf_counter() - t0

    want = {tuple(r) for r in V.read_current(spark, src).collect()}
    got = {tuple(r) for r in V.read_current(spark, rep).collect()}
    assert got == want, (len(got), len(want))
    # kill left batch #kill_at uncommitted: it replays once
    assert len(batch_times) == expect_batches + 1, (
        len(batch_times), expect_batches)
    import statistics
    half = len(batch_times) // 2
    print(f"capped drain via PUBLIC runner: {n_commits} commits as "
          f"{expect_batches} batches (cap {cap}, +1 replayed after "
          f"kill) in {dt:6.1f} s wall; "
          f"replica == source ({len(want)} rows)", flush=True)
    print(f"per-batch {'matview+apply' if with_view else 'apply'}: "
          f"first-half median "
          f"{statistics.median(batch_times[:half]):5.2f} s, "
          f"second-half median "
          f"{statistics.median(batch_times[half:]):5.2f} s "
          f"(flat = O(batch), not O(replica history))", flush=True)
    if with_view:
        from pyspark.sql import functions as F
        vw = {(r.g, r.n, str(r.sum_value)) for r in
              V.read_current(spark, view).filter("n > 0").collect()}
        direct = {(r.g, r.n, str(r.sum_value)) for r in
                  V.read_current(spark, src)
                  .groupBy(F.col("v").alias("g"))
                  .agg(F.count("*").alias("n"),
                       F.sum(F.col("k").cast("decimal(18,4)"))
                        .alias("sum_value")).collect()}
        assert vw == direct, (len(vw), len(direct))
        print(f"view == direct aggregate of source "
              f"({len(vw)} groups)", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
