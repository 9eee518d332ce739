"""Spark-side counters read from public status APIs.

Everything here works with the Spark UI disabled: the status store that
backs the UI is live without it.
"""

from __future__ import annotations

MB = 1024 * 1024


def codegen_compiles(spark) -> int:
    """Whole-stage-codegen classes compiled by this JVM so far."""
    cm = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(cm.METRIC_COMPILATION_TIME().getCount())


def held_mb(spark) -> float:
    """MB of cached and locally checkpointed blocks held right now."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / MB


def jvm_peak_rss_mb(spark) -> float:
    """Peak resident set size (VmHWM) of the driver JVM."""
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def stage_stats(spark, job_ids) -> dict[str, float]:
    """Totals over the completed stages of ``job_ids``: stage and task
    counts, shuffle read/write and spill in MB, and the task-time skew
    (max / median task run time) of the worst multi-task stage."""
    tracker = spark.sparkContext.statusTracker()
    stage_ids: set[int] = set()
    for j in job_ids:
        info = tracker.getJobInfo(j)
        if info is not None:
            stage_ids.update(info.stageIds)
    jsc = spark.sparkContext._jsc.sc()
    store = jsc.statusStore()
    gw = spark.sparkContext._gateway
    no_quantiles = gw.new_array(gw.jvm.double, 0)
    quantiles = gw.new_array(gw.jvm.double, 2)
    quantiles[0], quantiles[1] = 0.5, 1.0
    out = {"stages": 0, "tasks": 0, "shuffle_read_mb": 0.0,
           "shuffle_write_mb": 0.0, "spill_mb": 0.0, "task_skew": 1.0}
    stages = store.stageList(None, False, False, no_quantiles, None)
    for sd in gw.jvm.scala.jdk.javaapi.CollectionConverters.asJava(stages):
        if sd.stageId() not in stage_ids or sd.status().toString() != "COMPLETE":
            continue
        out["stages"] += 1
        out["tasks"] += sd.numCompleteTasks()
        out["shuffle_read_mb"] += sd.shuffleReadBytes() / MB
        out["shuffle_write_mb"] += sd.shuffleWriteBytes() / MB
        out["spill_mb"] += (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / MB
        if sd.numCompleteTasks() > 1:
            summ = store.taskSummary(sd.stageId(), sd.attemptId(), quantiles)
            if summ.isDefined():
                rt = summ.get().executorRunTime()
                med, mx = rt.apply(0), rt.apply(1)
                if med > 0:
                    out["task_skew"] = max(out["task_skew"], mx / med)
    return out
