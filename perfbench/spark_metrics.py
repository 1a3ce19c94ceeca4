"""Spark's own counters for a set of job ids, read from the driver's
status store (works with the UI disabled)."""

from __future__ import annotations

import stats


def job_metrics(spark, job_ids: list[int]) -> dict[str, float]:
    """Sum the stage metrics of ``job_ids``. ``s`` is the wall time
    covered by at least one running job; a stage shared by several
    jobs (a reused shuffle) counts once."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    no_tasks = sc._jvm.java.util.ArrayList()
    no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
    out = dict.fromkeys(
        ("jobs", "stages", "tasks", "failed_tasks", "executor_run_ms",
         "executor_cpu_ms", "gc_ms", "input_bytes", "shuffle_read_bytes",
         "shuffle_write_bytes", "spill_bytes"), 0.0)
    spans, seen = [], set()
    for jid in job_ids:
        try:
            job = store.job(jid)
        except Exception:
            continue  # evicted or never registered
        out["jobs"] += 1
        sub, end = job.submissionTime(), job.completionTime()
        if sub.isDefined() and end.isDefined():
            spans.append((sub.get().getTime() / 1000,
                          end.get().getTime() / 1000))
        it = job.stageIds().iterator()
        while it.hasNext():
            sid = it.next()
            if sid in seen:
                continue
            seen.add(sid)
            attempts = store.stageData(sid, False, no_tasks, False,
                                       no_quantiles)
            for i in range(attempts.size()):
                sd = attempts.apply(i)
                if sd.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += sd.numCompleteTasks() + sd.numFailedTasks()
                out["failed_tasks"] += sd.numFailedTasks()
                out["executor_run_ms"] += sd.executorRunTime()
                out["executor_cpu_ms"] += sd.executorCpuTime() / 1e6
                out["gc_ms"] += sd.jvmGcTime()
                out["input_bytes"] += sd.inputBytes()
                out["shuffle_read_bytes"] += sd.shuffleReadBytes()
                out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                out["spill_bytes"] += (sd.memoryBytesSpilled()
                                       + sd.diskBytesSpilled())
    out["s"] = (stats.covered(spans, min(a for a, _ in spans),
                              max(b for _, b in spans)) if spans else 0.0)
    return out
