"""Spans, Spark status-store counts and process counters for the benchmark.

A span is recorded from the benchmark's own code around one call into a
layer of the program. Jobs launched inside a span carry the span's Spark
job group, so after the pass each stage can be attributed to the span
whose call launched it. JVM CPU and GC time are read at the same span
boundaries. Spans stay in memory and are written out once, at the end.
"""

from __future__ import annotations

import gc
import os
import time
from contextlib import contextmanager

#: per-stage metrics read from Spark's status store, summed per span
STAGE_FIELDS = ("tasks", "executor_run_s", "input_bytes",
                "shuffle_write_bytes", "spill_bytes")
_CLK_TCK = os.sysconf("SC_CLK_TCK")
#: Spark's ContextCleaner removes blocks asynchronously after the
#: collection that frees their owners; removing them takes milliseconds
CLEANER_WAIT_S = 0.5
#: collection rounds after the first, at most, and the heap a round must
#: free to count as not yet settled
CLEANER_ROUNDS = 6
CLEANER_SETTLED_BYTES = 1 << 20


def jvm_pid(spark) -> int:
    return int(spark._jvm.ProcessHandle.current().pid())


def proc_cpu_s(pid: int) -> float:
    """User + system CPU seconds of a process, from /proc/<pid>/stat."""
    with open(f"/proc/{pid}/stat") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / _CLK_TCK


def python_hwm_mb() -> float:
    """Peak resident size (VmHWM) of this Python driver."""
    with open("/proc/self/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def held_memory_mb(spark) -> tuple[float, float]:
    """(JVM heap, JVM non-heap) in MB that the program still holds.

    Drops this driver's unreferenced JVM proxies, runs a full collection,
    gives Spark's ContextCleaner time to remove the blocks of the RDDs and
    broadcasts that collection freed, and collects again, until two
    rounds in a row free less than a megabyte each. What is left is what
    the program keeps (cached blocks, broadcasts, plans, leaked state,
    classes, generated code), not how far the collector let the heap
    grow."""
    gc.collect()
    bean = spark._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    bean.gc()
    heap = bean.getHeapMemoryUsage().getUsed()
    # blocks the cleaner removes can free the owners of further blocks,
    # and on a busy host one wait may end before the cleaner has run, so
    # collect until two rounds in a row free (almost) nothing
    settled = 0
    for _ in range(CLEANER_ROUNDS):
        time.sleep(CLEANER_WAIT_S)
        bean.gc()
        before, heap = heap, bean.getHeapMemoryUsage().getUsed()
        settled = settled + 1 if before - heap < CLEANER_SETTLED_BYTES else 0
        if settled == 2:
            break
    mb = 1024.0 * 1024.0
    return heap / mb, bean.getNonHeapMemoryUsage().getUsed() / mb


class NullTracer:
    """Tracing off: spans cost one generator frame and record nothing."""

    enabled = False

    @contextmanager
    def span(self, name: str):
        yield {}


class Tracer:
    """Tracing on: spans with Spark and JVM counts at their boundaries."""

    enabled = True

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.pid = jvm_pid(spark)
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._gc_beans = list(
            spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        )
        self.pass_no = 0

    def _counts(self) -> tuple[float, float]:
        gc_ms = sum(b.getCollectionTime() for b in self._gc_beans)
        return proc_cpu_s(self.pid), gc_ms / 1000.0

    def _set_group(self, group: str | None) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", group)

    @contextmanager
    def span(self, name: str):
        rec = {
            "id": len(self.spans), "name": name, "pass": self.pass_no,
            "parent": self._stack[-1]["id"] if self._stack else None,
        }
        rec["group"] = f"bench-span-{rec['id']}"
        self.spans.append(rec)
        self._stack.append(rec)
        self._set_group(rec["group"])
        rec["cpu0"], rec["gc0"] = self._counts()
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["cpu1"], rec["gc1"] = self._counts()
            self._stack.pop()
            self._set_group(self._stack[-1]["group"] if self._stack else None)

    def collect_stages(self) -> None:
        """Attach Spark job and stage counts to every span of the pass
        just finished. Waits for the listener bus first: the status
        store is updated asynchronously after each job ends."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        gw = self.sc._gateway
        no_quantiles = gw.new_array(gw.jvm.double, 0)
        no_status = gw.jvm.java.util.ArrayList()
        tracker = self.sc.statusTracker()
        seen: set[int] = set()  # a reused shuffle stage is listed by later jobs too
        for rec in self.spans:
            if rec["pass"] != self.pass_no or "jobs" in rec:
                continue
            jobs = tracker.getJobIdsForGroup(rec["group"])
            rec["jobs"] = len(jobs)
            sums = dict.fromkeys(STAGE_FIELDS, 0.0)
            for j in jobs:
                info = tracker.getJobInfo(j)
                for sid in info.stageIds if info else ():
                    if sid in seen:
                        continue
                    seen.add(sid)
                    attempts = store.stageData(sid, False, no_status, False, no_quantiles)
                    for i in range(attempts.size()):
                        d = attempts.apply(i)
                        if d.status().toString() == "SKIPPED":
                            continue
                        sums["tasks"] += d.numTasks()
                        sums["executor_run_s"] += d.executorRunTime() / 1000.0
                        sums["input_bytes"] += d.inputBytes()
                        sums["shuffle_write_bytes"] += d.shuffleWriteBytes()
                        sums["spill_bytes"] += d.memoryBytesSpilled() + d.diskBytesSpilled()
            rec.update(sums)

    def pass_spans(self, pass_no: int) -> list[dict]:
        return [s for s in self.spans if s["pass"] == pass_no]

    def dump(self) -> list[dict]:
        out = []
        for s in self.spans:
            d = {k: v for k, v in s.items() if k not in ("group",)}
            d["wall_s"] = s["end"] - s["start"]
            d["jvm_cpu_s"] = s["cpu1"] - s["cpu0"]
            d["jvm_gc_s"] = s["gc1"] - s["gc0"]
            out.append(d)
        return out
