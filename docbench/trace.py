"""Layer timers, counters and Spark status readers for the benchmark.

Layers are timed from the benchmark's own files around each call into
an engine layer; nothing inside the engine is patched. Spark-side facts
(stages, tasks, bytes, plan shape, pinned caches) come from the
application status store through py4j, using the stage-id watermark
approach: stages with an id above the mark taken before a call belong
to that call.
"""

from __future__ import annotations

import os
import re
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

_EXCHANGE = re.compile(r"\bExchange\b")
_SMJ = re.compile(r"\bSortMergeJoin\b")
_BHJ = re.compile(r"\bBroadcastHashJoin\b")


@dataclass
class Tracer:
    """Per-layer times and counts for one pass. A disabled tracer keeps
    the same interface and records nothing, so workload code has one path."""

    enabled: bool
    counters: dict[str, float] = field(default_factory=lambda: defaultdict(float))

    @contextmanager
    def span(self, name: str):
        """Time a block; its duration adds to the counter `name`."""
        if not self.enabled:
            yield
            return
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.counters[name] += time.perf_counter() - t0

    def add(self, key: str, value: float) -> None:
        if self.enabled:
            self.counters[key] += value


# --- status store ---------------------------------------------------------------


def _status_store(spark):
    return spark._jsparkSession.sparkContext().statusStore()


def _empty_list(spark):
    return spark.sparkContext._gateway.jvm.java.util.ArrayList()


def drain_listener_bus(spark) -> None:
    """Flush the asynchronous listener bus so the status store has seen
    every stage of the calls made so far."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def stage_watermark(spark) -> int:
    drain_listener_bus(spark)
    gw = spark.sparkContext._gateway
    stages = _status_store(spark).stageList(
        _empty_list(spark), False, False, gw.new_array(gw.jvm.double, 0), _empty_list(spark)
    )
    it = stages.iterator()
    mark = -1
    while it.hasNext():
        mark = max(mark, it.next().stageId())
    return mark


def job_watermark(spark) -> int:
    drain_listener_bus(spark)
    it = _status_store(spark).jobsList(_empty_list(spark)).iterator()
    mark = -1
    while it.hasNext():
        mark = max(mark, it.next().jobId())
    return mark


def stage_totals_since(spark, mark: int) -> dict[str, int]:
    """Counts and bytes summed over the stages with an id above `mark`."""
    drain_listener_bus(spark)
    gw = spark.sparkContext._gateway
    stages = _status_store(spark).stageList(
        _empty_list(spark), False, False, gw.new_array(gw.jvm.double, 0), _empty_list(spark)
    )
    out = dict(stages=0, tasks=0, shuffle_write_bytes=0, spill_bytes=0,
               input_bytes=0, input_records=0)
    it = stages.iterator()
    while it.hasNext():
        s = it.next()
        if s.stageId() > mark:
            out["stages"] += 1
            out["tasks"] += s.numTasks()
            out["shuffle_write_bytes"] += s.shuffleWriteBytes()
            out["spill_bytes"] += s.diskBytesSpilled() + s.memoryBytesSpilled()
            out["input_bytes"] += s.inputBytes()
            out["input_records"] += s.inputRecords()
    return out


def jobs_tasks_since(spark, mark: int) -> tuple[int, int]:
    """(jobs, tasks) of the jobs with an id above `mark`."""
    drain_listener_bus(spark)
    it = _status_store(spark).jobsList(_empty_list(spark)).iterator()
    jobs = tasks = 0
    while it.hasNext():
        j = it.next()
        if j.jobId() > mark:
            jobs += 1
            tasks += j.numTasks()
    return jobs, tasks


def pinned_cache(spark) -> tuple[int, float]:
    """(persistent RDDs, their memory + disk size in MB)."""
    n = spark.sparkContext._jsc.getPersistentRDDs().size()
    size = 0
    for info in spark.sparkContext._jsc.sc().getRDDStorageInfo():
        size += info.memSize() + info.diskSize()
    return n, size / 2**20


def plan_shape(df) -> dict[str, int]:
    text = df._jdf.queryExecution().executedPlan().toString()
    return {
        "plan.exchanges": len(_EXCHANGE.findall(text)),
        "plan.smj": len(_SMJ.findall(text)),
        "plan.bhj": len(_BHJ.findall(text)),
    }


def run_query(spark, tracer: Tracer, build, action):
    """Build a DataFrame, then run `action` on it; with tracing on, the
    call is split into builder, planning and execution phases.

    Returns (action result, DataFrame)."""
    if not tracer.enabled:
        df = build()
        return action(df), df
    jobs0 = job_watermark(spark)
    t0 = time.perf_counter()
    df = build()
    t1 = time.perf_counter()
    jobs, _ = jobs_tasks_since(spark, jobs0)
    t_plan = time.perf_counter()
    shape = plan_shape(df)  # forces queryExecution.executedPlan
    t2 = time.perf_counter()
    mark = stage_watermark(spark)
    t_exec = time.perf_counter()
    out = action(df)
    t3 = time.perf_counter()
    st = stage_totals_since(spark, mark)
    tracer.add("builder.s", t1 - t0)
    tracer.add("builder.jobs", jobs)
    tracer.add("plan.s", t2 - t_plan)
    tracer.add("exec.s", t3 - t_exec)
    tracer.add("exec.stages", st["stages"])
    tracer.add("exec.tasks", st["tasks"])
    tracer.add("exec.shuffle_write_bytes", st["shuffle_write_bytes"])
    tracer.add("exec.spill_bytes", st["spill_bytes"])
    tracer.add("exec.input_bytes", st["input_bytes"])
    tracer.add("exec.input_records", st["input_records"])
    for k, v in shape.items():
        tracer.add(k, v)
    return out, df


# --- resident memory ---------------------------------------------------------------


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids[ppid].append(int(name))
    return kids


def process_tree(root: int) -> list[int]:
    """`root` and all its descendants (the driver JVM, the Python daemon
    and its workers all descend from the benchmark process)."""
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def reset_peak_rss(root: int) -> None:
    """Reset the kernel's peak-RSS mark (VmHWM) of every process in the tree."""
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")
        except OSError:
            pass


def peak_rss_bytes(root: int) -> int:
    """Sum over the tree of each process's peak RSS since the last reset."""
    total = 0
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1]) * 1024
        except OSError:
            continue
    return total
