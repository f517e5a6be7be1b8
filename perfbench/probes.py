"""Measurement probes: the process tree of the Spark JVM (CPU seconds,
peak resident memory) and Spark's in-process status store (task time,
shuffle, spill per job group), plus the span tracer built on them."""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager

CLK_TCK = os.sysconf("SC_CLK_TCK")
MB = 1024 * 1024


def host_steal_s() -> float:
    """Steal time of all CPUs since boot (``/proc/stat``)."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / CLK_TCK


class ProcessTree:
    """The JVM and every process below it (the PySpark daemon and its
    Python workers)."""

    def __init__(self, root_pid: int):
        self.root = root_pid

    def pids(self) -> list[int]:
        children: dict[int, list[int]] = {}
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            try:
                with open(f"/proc/{entry}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(entry))
        out, todo = [], [self.root]
        while todo:
            pid = todo.pop()
            out.append(pid)
            todo.extend(children.get(pid, []))
        return out

    def cpu_s(self) -> float:
        """utime+stime+cutime+cstime summed over the tree: children that
        exit are reaped by a tree member and land in its cutime."""
        ticks = 0
        for pid in self.pids():
            try:
                with open(f"/proc/{pid}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            ticks += sum(int(x) for x in fields[11:15])
        return ticks / CLK_TCK

    def reset_peak(self) -> None:
        """Reset every member's peak RSS (VmHWM) to its current RSS."""
        for pid in self.pids():
            try:
                with open(f"/proc/{pid}/clear_refs", "w") as f:
                    f.write("5")
            except OSError:
                pass

    def peak_rss_mb(self) -> dict[int, float]:
        """Each member's peak RSS since the last ``reset_peak``."""
        out = {}
        for pid in self.pids():
            try:
                with open(f"/proc/{pid}/status") as f:
                    for line in f:
                        if line.startswith("VmHWM:"):
                            out[pid] = int(line.split()[1]) / 1024
                            break
            except OSError:
                continue
        return out


class JvmHeap:
    """Peak use of the JVM heap, from the heap memory pools' MXBeans."""

    def __init__(self, spark):
        mf = spark._jvm.java.lang.management.ManagementFactory
        heap = spark._jvm.java.lang.management.MemoryType.HEAP
        self.pools = [p for p in mf.getMemoryPoolMXBeans() if p.getType().equals(heap)]

    def reset_peak(self) -> None:
        for p in self.pools:
            p.resetPeakUsage()

    def peak_mb(self) -> float:
        """Sum over the pools of each pool's peak use since ``reset_peak``."""
        return sum(p.getPeakUsage().getUsed() for p in self.pools) / MB


class StatusStore:
    """Per-job-group stage totals read from Spark's in-process status
    store (it is populated with the UI disabled). The store's job and
    stage lists are read as JSON, one JVM call each, because one py4j
    call per field costs 1.5-2 s per media op."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        jvm = spark._jvm
        self._json = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._json.registerModule(getattr(scala_module, "MODULE$"))
        self._no_quantiles = self.sc._gateway.new_array(jvm.double, 0)

    def set_group(self, group: str | None) -> None:
        if group is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(group, group)

    def group_metrics(self, group: str) -> dict:
        self._jsc.listenerBus().waitUntilEmpty()
        store = self._jsc.statusStore()
        jobs = json.loads(self._json.writeValueAsString(store.jobsList(None)))
        # every attempt of every stage, without task details
        stages = store.stageList(None, False, False, self._no_quantiles, None)
        last_attempt = {}
        for st in json.loads(self._json.writeValueAsString(stages)):
            if st["attemptId"] >= last_attempt.get(st["stageId"], st)["attemptId"]:
                last_attempt[st["stageId"]] = st
        mine = [j for j in jobs if j["jobGroup"] == group]
        out = dict.fromkeys(
            ("task_s", "shuffle_write_mb", "spill_mb", "input_mb", "stages", "failed_tasks"), 0.0
        )
        out["jobs"] = len(mine)
        for sid in {sid for j in mine for sid in j["stageIds"]}:
            st = last_attempt[sid]
            if st["status"] == "SKIPPED":
                continue
            out["stages"] += 1
            out["task_s"] += st["executorRunTime"] / 1000.0
            out["shuffle_write_mb"] += st["shuffleWriteBytes"] / MB
            out["spill_mb"] += (st["memoryBytesSpilled"] + st["diskBytesSpilled"]) / MB
            out["input_mb"] += st["inputBytes"] / MB
            out["failed_tasks"] += st["numFailedTasks"]
        return out


class Tracer:
    """Spans at layer boundaries. Each span gets its own job group, so
    the status store attributes every Spark job to exactly one span;
    a nested span's jobs are not counted in its parent, and the
    parent's wall is reduced to its self time."""

    def __init__(self, status: StatusStore):
        self.status = status
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.root_group: str | None = None  # jobs outside every span

    @contextmanager
    def span(self, layer: str):
        span = {"layer": layer, "group": f"span-{len(self.spans)}-{layer}", "child_wall": 0.0, "extra": {}}
        parent = self._stack[-1] if self._stack else None
        span["parent"] = parent["layer"] if parent else None
        self.spans.append(span)
        self._stack.append(span)
        self.status.set_group(span["group"])
        t0 = time.perf_counter()
        try:
            yield span
        finally:
            span["wall"] = time.perf_counter() - t0
            self._stack.pop()
            self.status.set_group(parent["group"] if parent else self.root_group)
            if parent:
                parent["child_wall"] += span["wall"]

    def current(self) -> dict | None:
        """The innermost open span."""
        return self._stack[-1] if self._stack else None

    def layer_totals(self) -> dict[str, dict]:
        """Per layer: summed self wall, stage metrics and counters. A
        span named ``<layer>.<part>`` counts under its own name and again
        under ``<layer>``."""
        totals: dict[str, dict] = {}
        for span in self.spans:
            counts = {
                "spans": 1,
                "wall_s": span["wall"] - span["child_wall"],
                "rows_out": span.get("rows_out", 0),
                **self.status.group_metrics(span["group"]),
                **span["extra"],
            }
            names = {span["layer"], span["layer"].split(".")[0]}
            for name in names:
                t = totals.setdefault(name, {})
                for k, v in counts.items():
                    t[k] = t.get(k, 0) + v
        return totals

    def covered_wall(self) -> float:
        return sum(s["wall"] for s in self.spans if s["parent"] is None)
