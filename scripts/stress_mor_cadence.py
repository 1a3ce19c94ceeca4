#!/usr/bin/env python
"""Compaction-cadence measurement for merge-on-read masks (VERDICT
r04 #7): the read-tax vs pending-mask-count CURVE that justifies
``optimize_table``'s default ``max_delete_files`` trigger.

Scenario: orders range-clustered into 64 files (stats on o_orderkey),
then a streaming-upsert landing workload — successive scattered
`merge_snapshot_mor` batches (each ~0.1% of the table, every file
hit). After each commit we measure the warm full-read median: every
pending delete file adds one more literal term to the readers' scan
filter (one more broadcast anti-join past the driver budget) until
compaction applies the masks. Then one compaction clears them and we
measure the restored read and the compaction price.

The policy math: with read tax ≈ a·n for n pending masks and a
compaction cost C paid once per cycle, landing k commits per cycle
costs each READ between compactions a·(avg n)=a·k/2, so the break-even
cadence for a read:commit ratio ρ is where ρ·a·k/2 ≈ C/k. The default
trigger is chosen from the measured a and C at ρ≈1 (the
streaming-lander + dashboard shape).

Usage: python scripts/stress_mor_cadence.py [STRESS_DIR] [WORK_DIR] [N_BATCHES]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

STRESS = sys.argv[1] if len(sys.argv) > 1 else "/tmp/stress_sf10"
WORK = sys.argv[2] if len(sys.argv) > 2 else "/tmp/stress_mor_cadence"
N_BATCHES = int(sys.argv[3]) if len(sys.argv) > 3 else 8


def median_read(spark, V, table, reps=3):
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        V.read_current(spark, table).count()
        times.append(time.perf_counter() - t0)
    times.sort()
    return times[len(times) // 2]


def main() -> None:
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    sys.path.insert(0, os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))))
    from mc_ns_data_pipeline_spark.sinks import versioned as V

    spark = (
        SparkSession.builder.master("local[32]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.driver.memory", "8g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    shutil.rmtree(WORK, ignore_errors=True)
    table = f"{WORK}/tbl"
    orders = (
        spark.read.option("mergeSchema", "false")
        .parquet(f"{STRESS}/orders.parquet")
        .select("o_orderkey", "o_custkey", "o_totalprice",
                "o_orderstatus")
    )
    n = orders.count()
    print(f"rows: {n}")
    t0 = time.perf_counter()
    V.write_snapshot(
        orders.repartitionByRange(64, "o_orderkey")
        .sortWithinPartitions("o_orderkey"),
        table, stats_cols=["o_orderkey"])
    print(f"publish 64-file clustered table: "
          f"{time.perf_counter() - t0:.2f} s")

    # one discarded read first: the table's cold first read (JIT,
    # footer and file-listing caches) would inflate the 0-mask base
    # every mask's tax is measured against
    V.read_current(spark, table).count()
    raw = median_read(spark, V, table)
    print(f"{'raw read (0 masks)':44s} {raw:7.3f} s")

    curve = [{"masks": 0, "read_s": round(raw, 3)}]
    batch_rows = max(1, n // 1000)  # scattered ~0.1% per commit
    for b in range(1, N_BATCHES + 1):
        batch = (
            orders.filter(F.col("o_orderkey") % 1000 == b)
            .withColumn("o_totalprice", F.col("o_totalprice") + b)
        )
        t0 = time.perf_counter()
        V.merge_snapshot_mor(spark, batch, table, "o_orderkey")
        t_merge = time.perf_counter() - t0
        r = median_read(spark, V, table)
        man = V._read_core(table, V.current_snapshot(table))
        n_masks = len(man.get("delete_files") or [])
        print(f"after MOR upsert #{b} ({batch_rows} keys, "
              f"{t_merge:5.2f} s commit): "
              f"{n_masks} masks, read {r:7.3f} s (+{r - raw:6.3f})")
        curve.append({"masks": n_masks, "read_s": round(r, 3),
                      "merge_s": round(t_merge, 3)})

    t0 = time.perf_counter()
    V.compact_snapshot(spark, table, sort_col="o_orderkey",
                       target_files=64)
    t_compact = time.perf_counter() - t0
    r = median_read(spark, V, table)
    print(f"{'compact (applies + clears all masks)':44s} "
          f"{t_compact:7.3f} s")
    print(f"{'read after compact':44s} {r:7.3f} s")

    taxes = [c["read_s"] - raw for c in curve if c["masks"] > 0]
    slope = (sum(t / c["masks"] for t, c in zip(
        taxes, [c for c in curve if c["masks"] > 0]))
        / len(taxes)) if taxes else 0.0
    # break-even cadence at read:commit ratio 1: rho*a*k/2 = C/k
    k_star = ((2 * t_compact / slope) ** 0.5) if slope > 0 else None
    print()
    print(json.dumps({
        "rows": n, "curve": curve,
        "compact_s": round(t_compact, 3),
        "read_after_compact_s": round(r, 3),
        "avg_tax_per_mask_s": round(slope, 3),
        "break_even_cadence_rho1": (round(k_star, 1)
                                    if k_star else None),
    }))


if __name__ == "__main__":
    main()
